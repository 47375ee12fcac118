"""Seeded input generators for the benchmark.

`tables` writes the ten parquet tables `graft.SparkEntry.queries` read
(same names, columns and physical types as the repository's sf tiers).
`b3_days` writes scraped pt-BR B3 pages, one parquet file per day, and
returns the generator's own bookkeeping for the lake_etl checks.
The same seed always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "big group stream filter vector").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EPOCH_US = {"1992": 694224000 * 10**6, "2024": 1704067200 * 10**6}
DAY_US = 86400 * 10**6


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, seed, sf):
    """The ten query tables at scale factor `sf` (0.01 ~ 60 k lineitem rows)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users, n_docs = int(1000000 * sf), max(10, int(15000 * sf)), int(50000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["small", "red", "large", "blue", "shiny", "green", "brushed"])
    noun = np.array(["ring", "widget", "bolt", "gear", "panel", "spring", "valve"])
    ptypes = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 7, n_part)], " "),
                              noun[rng.integers(0, 7, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    days_9202 = (EPOCH_US["2024"] - EPOCH_US["1992"]) // DAY_US - 22 * 365
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 900, 500000, n_ord),
        "o_orderdate": _ts(EPOCH_US["1992"] + rng.integers(0, days_9202, n_ord) * DAY_US),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 3000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_US["1992"] + rng.integers(0, days_9202 + 120, n_li) * DAY_US)})
    # events: strictly increasing timestamps over 30 days
    gaps = rng.integers(1, 2 * 30 * DAY_US // max(n_ev, 1), n_ev)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_US["2024"] + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 20, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word runs; one in eight is a light edit of an
    # earlier document so the near-duplicate families have work to do
    texts = []
    for i in range(n_docs):
        if i > 8 and rng.random() < 0.125:
            w = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            w = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 90)))]
        texts.append(" ".join(w))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.35, (n_docs, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def _pt_br_thousands(v):
    return f"{v:,}".replace(",", ".")


def b3_days(out, seed, n_days, rows_per_day, n_keys):
    """Scraped B3 pages for `n_days` days, `rows_per_day` distinct tickers each.

    Writes `<out>/day=<i>.parquet` in the scraped schema (the two summary
    rows a B3 page ends with included) and returns, per day, the typed
    rows the transform must produce: [(cod, acao, tipo, qtde or None,
    part)]. About one value in 200 is not a number, which the transform
    must coerce to null.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    cods = [f"B{k:05d}{'34'[k % 2]}" for k in range(n_keys)]
    acaos = [f"CIA {k % (n_keys // 2 or 1):05d} SA" for k in range(n_keys)]
    tipos = np.array(["ON", "PN", "UNT", "ON NM", "PN N1"])
    days = []
    for d in range(n_days):
        keys = rng.choice(n_keys, rows_per_day, replace=False)
        qtde = rng.integers(10**5, 10**9, rows_per_day)
        bad = rng.random(rows_per_day) < 0.005
        part = rng.integers(1, 9999, rows_per_day)
        tipo = tipos[keys % len(tipos)]
        q_str = ["n/d" if b else _pt_br_thousands(int(v)) for v, b in zip(qtde, bad)]
        rows = [(cods[k], acaos[k], str(t), None if b else int(v), int(p))
                for k, t, v, b, p in zip(keys, tipo, qtde, bad, part)]
        total = sum(v for _, _, _, v, _ in rows if v is not None)
        _write(out, f"day={d}", {
            "Código": [r[0] for r in rows] + ["Redutor", "Quantidade Teórica Total"],
            "Ação": [r[1] for r in rows] + [None, None],
            "Tipo": [r[2] for r in rows] + [None, None],
            "Qtde. Teórica": q_str + [_pt_br_thousands(10**6), _pt_br_thousands(total)],
            "Part. (%)": pa.array([r[4] for r in rows] + [None, 100000], pa.int64())})
        days.append(rows)
    return days
