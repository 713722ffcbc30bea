"""Seeded input generator for the benchmark.

Uses numpy, pyarrow and pandas only -- nothing from the program under test --
so the inputs and the ground truth written next to them are independent of
the code being measured.  The same seed always gives byte-identical inputs.
``run.py`` calls these functions; each writer also leaves a ``truth.json``
holding what the checks compare against.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# rawdata (DataCo shape) + routes GeoJSON
# ---------------------------------------------------------------------------

N_DEPARTMENTS = 11
N_CATEGORIES = 51
N_PRODUCTS = 118
ROWS_PER_CUSTOMER = 9  # DataCo: ~180k line items / ~20k customers
ROWS_PER_GEO = 50  # order-geography triples scale with the rows
ROUTE_HIT_SHARE = 0.3  # share of rawdata rows whose coordinates are a route

_SEGMENTS = ["Consumer", "Corporate", "Home Office"]
_MODES = ["Standard Class", "First Class", "Second Class", "Same Day"]
_DELIVERY = ["Advance shipping", "Late delivery", "Shipping on time", "Shipping canceled"]
_ORDER_STATUS = ["COMPLETE", "PENDING", "CLOSED", "PROCESSING", "SUSPECTED_FRAUD"]
_REGIONS = [("Western Europe", "Europe"), ("Central America", "LATAM"),
            ("South Asia", "Pacific Asia"), ("West Africa", "Africa"),
            ("US Center", "USCA")]
_SYL = ["ka", "lo", "mi", "ner", "sa", "to", "vi", "ran", "del", "por",
        "ber", "lin", "mar", "qu", "es", "ta", "ri", "on", "bu", "go"]


def _names(rng: np.random.Generator, n: int, syllables: int = 3) -> list[str]:
    """n distinct pseudo-words (capitalised)."""
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, syllables + 1))
        out.add("".join(rng.choice(_SYL, k)).capitalize())
    return sorted(out)


def _noise(rng: np.random.Generator, s: np.ndarray) -> np.ndarray:
    """Case and edge-whitespace variants of the same key (the normalised
    form upper(trim(x)) is unchanged)."""
    kind = rng.integers(0, 5, len(s))
    out = s.astype(object).copy()
    out[kind == 1] = np.char.upper(s[kind == 1].astype(str))
    out[kind == 2] = np.char.lower(s[kind == 2].astype(str))
    out[kind == 3] = np.char.add(" ", s[kind == 3].astype(str))
    out[kind == 4] = np.char.add(s[kind == 4].astype(str), "  ")
    return out


def _money(x: np.ndarray) -> np.ndarray:
    return np.char.mod("%.2f", np.round(x, 2))


def _datestr(ts: np.ndarray) -> np.ndarray:
    """datetime64[m] -> 'M/d/yyyy H:mm' (DataCo's format, no zero padding
    on month/day/hour)."""
    t = pd.DatetimeIndex(ts)
    return np.array([f"{m}/{d}/{y} {h}:{mi:02d}" for m, d, y, h, mi in
                     zip(t.month, t.day, t.year, t.hour, t.minute)], dtype=object)


def rawdata(seed: int, n_customers: int, out_dir: str) -> dict:
    """Write ``rawdata.csv`` and ``routes.geojson``; return the ground truth."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_rows = n_customers * ROWS_PER_CUSTOMER

    # product hierarchy: 11 departments > 51 categories > 118 products
    dept_ids = np.arange(2, 2 + N_DEPARTMENTS)
    dept_names = np.array(_names(rng, N_DEPARTMENTS))
    cat_ids = np.arange(1, 1 + N_CATEGORIES) * 3
    cat_dept = np.concatenate([dept_ids, rng.choice(dept_ids, N_CATEGORIES - N_DEPARTMENTS)])
    cat_names = np.array(_names(rng, N_CATEGORIES))
    prod_ids = np.sort(rng.choice(np.arange(19, 1400), N_PRODUCTS, replace=False))
    prod_cat = np.concatenate([cat_ids, rng.choice(cat_ids, N_PRODUCTS - N_CATEGORIES)])
    prod_price = np.round(rng.uniform(9.99, 499.99, N_PRODUCTS), 2)
    prod_names = np.array(_names(rng, N_PRODUCTS, 4))

    # customers: consistent attributes per id
    cust_ids = np.sort(rng.choice(np.arange(1, n_customers * 4), n_customers, replace=False))
    fnames = np.array(_names(rng, 200))
    lnames = np.array(_names(rng, 400, 4))
    c_f = rng.choice(fnames, n_customers)
    c_l = rng.choice(lnames, n_customers)
    c_seg = rng.choice(_SEGMENTS, n_customers)

    # geography triples (city, state, country) with region/market per triple
    n_geo = max(20, n_rows // ROWS_PER_GEO)
    g_city = np.array(_names(rng, n_geo, 4))
    g_state = rng.choice(np.array(_names(rng, 60, 2)), n_geo)
    g_ctry = rng.choice(np.array(_names(rng, 40, 3)), n_geo)
    g_reg = rng.integers(0, len(_REGIONS), n_geo)
    c_geo = rng.integers(0, n_geo, n_customers)
    c_city = _noise(rng, g_city[c_geo])

    # line items: customers own ~9 rows each, grouped into 1-5 item orders
    row_cust = np.repeat(np.arange(n_customers), ROWS_PER_CUSTOMER)
    rng.shuffle(row_cust)
    row_cust.sort(kind="stable")
    sizes = rng.integers(1, 6, n_rows)
    order_of_row = np.zeros(n_rows, dtype=np.int64)
    oid, i = 0, 0
    while i < n_rows:
        j = min(i + int(sizes[i]), n_rows)
        # an order never spans two customers
        while j > i + 1 and row_cust[j - 1] != row_cust[i]:
            j -= 1
        order_of_row[i:j] = oid
        oid, i = oid + 1, j
    order_ids = 1000 + order_of_row * 7 + 3
    item_ids = np.arange(1, n_rows + 1)
    perm = rng.permutation(n_rows)  # file order unrelated to the keys

    prod = rng.integers(0, N_PRODUCTS, n_rows)
    qty = rng.integers(1, 6, n_rows)
    disc = np.round(rng.choice([0.0, 0.02, 0.05, 0.1, 0.15, 0.25], n_rows), 2)
    sales = np.round(prod_price[prod] * qty * (1 - disc), 2)
    profit = np.round(sales * rng.uniform(-0.6, 0.5, n_rows), 2)
    ogeo = rng.integers(0, n_geo, n_rows)
    cgeo = c_geo[row_cust]

    start = np.datetime64("2015-01-01T00:00")
    n_orders = int(order_of_row[-1]) + 1  # an order's line items share its order date
    order_ts = (start + rng.integers(0, 3 * 365 * 24 * 60, n_orders).astype("timedelta64[m]"))[order_of_row]
    days_sched = rng.choice([0, 1, 2, 4], n_rows)
    days_real = np.clip(days_sched + rng.integers(-1, 4, n_rows), 0, 6)
    ship_ts = order_ts + (days_real * 24 * 60).astype("timedelta64[m]")
    order_s = _datestr(order_ts)
    ship_s = _datestr(ship_ts)
    # null and unparseable date stripes at planted positions
    stripe = rng.permutation(n_rows)
    n_bad = max(5, n_rows // 200)
    null_order, bad_order = stripe[:n_bad], stripe[n_bad:2 * n_bad]
    null_ship, bad_ship = stripe[2 * n_bad:3 * n_bad], stripe[3 * n_bad:4 * n_bad]
    order_s[null_order] = None
    order_s[bad_order] = "13/45/2017 25:61"
    ship_s[null_ship] = None
    ship_s[bad_ship] = "not a date"

    # routes: a known share of rows travel a route from the GeoJSON
    n_routes = max(10, n_geo // 2)
    r_olat = np.round(rng.uniform(-50, 60, n_routes), 4)
    r_olon = np.round(rng.uniform(-120, 140, n_routes), 4)
    r_dlat = np.round(rng.uniform(-50, 60, n_routes), 4)
    r_dlon = np.round(rng.uniform(-120, 140, n_routes), 4)
    hit = rng.random(n_rows) < ROUTE_HIT_SHARE
    route_of_row = rng.integers(0, n_routes, n_rows)
    lat_src = np.where(hit, r_olat[route_of_row], np.round(rng.uniform(-50, 60, n_rows), 4) + 0.00005)
    lon_src = np.where(hit, r_olon[route_of_row], np.round(rng.uniform(-120, 140, n_rows), 4))
    lat_dst = np.where(hit, r_dlat[route_of_row], np.round(rng.uniform(-50, 60, n_rows), 4))
    lon_dst = np.where(hit, r_dlon[route_of_row], np.round(rng.uniform(-120, 140, n_rows), 4))

    reg = g_reg[ogeo]
    cols = {
        "order_id": order_ids,
        "order_item_id": item_ids,
        "order_customer_id": cust_ids[row_cust],
        "customer_id": cust_ids[row_cust],
        "customer_fname": c_f[row_cust],
        "customer_lname": c_l[row_cust],
        "customer_email": np.full(n_rows, "XXXXXXXXX"),
        "customer_city": c_city[row_cust],
        "customer_state": g_state[cgeo],
        "customer_segment": c_seg[row_cust],
        "customer_country": g_ctry[cgeo],
        "department_id": cat_dept[np.searchsorted(cat_ids, prod_cat[prod])],
        "department_name": dept_names[cat_dept[np.searchsorted(cat_ids, prod_cat[prod])] - 2],
        "category_id": prod_cat[prod],
        "category_name": cat_names[prod_cat[prod] // 3 - 1],
        "product_card_id": prod_ids[prod],
        "product_name": prod_names[prod],
        "product_image": np.char.add("http://images.example/p", prod_ids[prod].astype(str)),
        "order_item_product_price": _money(prod_price[prod]),
        "shipping_mode": _noise(rng, rng.choice(_MODES, n_rows)),
        "delivery_status": _noise(rng, rng.choice(_DELIVERY, n_rows)),
        "order_status": _noise(rng, rng.choice(_ORDER_STATUS, n_rows)),
        "order_date_dateorders": order_s,
        "shipping_date_dateorders": ship_s,
        "order_city": _noise(rng, g_city[ogeo]),
        "order_state": _noise(rng, g_state[ogeo]),
        "order_country": _noise(rng, g_ctry[ogeo]),
        "order_region": np.array([_REGIONS[k][0] for k in reg]),
        "market": np.array([_REGIONS[k][1] for k in reg]),
        "latitude_src": lat_src,
        "longitude_src": lon_src,
        "latitude_dest": lat_dst,
        "longitude_dest": lon_dst,
        "sales": _money(sales),
        "order_item_quantity": qty,
        "order_profit_per_order": _money(profit),
        "order_item_discount_rate": _money(disc),
        "days_for_shipping_real": days_real,
        "days_for_shipment_scheduled": days_sched,
        "late_delivery_risk": (days_real > days_sched).astype(int),
    }
    df = pd.DataFrame({k: v[perm] for k, v in cols.items()})
    df.to_csv(os.path.join(out_dir, "rawdata.csv"), index=False)

    # FeatureCollection: every route once, a few twice (the dim dedups)
    dup = rng.choice(n_routes, max(1, n_routes // 10), replace=False)
    feats = []
    for k in list(range(n_routes)) + list(dup):
        mid = [round(float((r_olon[k] + r_dlon[k]) / 2), 3), round(float((r_olat[k] + r_dlat[k]) / 2), 3)]
        coords = [[float(r_olon[k]), float(r_olat[k])], mid, [float(r_dlon[k]), float(r_dlat[k])]]
        feats.append({"type": "Feature", "properties": {"route": int(k)},
                      "geometry": {"type": "LineString", "coordinates": coords}})
    with open(os.path.join(out_dir, "routes.geojson"), "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)

    truth = {
        "rows": n_rows,
        "routes": n_routes,
        "route_features": len(feats),
        "route_key_nulls": int((~hit).sum()),
        "order_date_key_nulls": 2 * n_bad,
        "shipping_date_key_nulls": 2 * n_bad,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


# ---------------------------------------------------------------------------
# TPC-H-shaped star schema (+ documents and a co-purchase graph)
# ---------------------------------------------------------------------------

_NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
            "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
            "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
            "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
            "UNITED STATES"]
_MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = [f"{a} {b}" for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
          for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")]


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1992-01-01T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def star(seed: int, n_orders: int, out_dir: str, lineitem: pa.Table | None = None,
         documents: pa.Table | None = None) -> None:
    """Write the eleven tables ``catalog.TESTDATA_SCHEMAS`` names, at
    ~4 lineitems per order (TPC-H ratios: 1 customer per 10 orders,
    1 part per 7.5 orders, 1 supplier per 150 orders)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, n_orders // 10)
    n_part = max(50, int(n_orders / 7.5))
    n_supp = max(10, n_orders // 150)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), out_dir, "region")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()), "n_name": _NATIONS,
                     "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())}), out_dir, "nation")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_MKT, n_cust)}), out_dir, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}), out_dir, "supplier")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": [f"part {k}" for k in range(1, n_part + 1)],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)}), out_dir, "part")
    okeys = np.sort(rng.choice(np.arange(1, n_orders * 4), n_orders, replace=False)).astype(np.int64)
    odays = rng.integers(0, 2400, n_orders)
    _write(pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(800, 450000, n_orders), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": rng.choice(_PRIO, n_orders)}), out_dir, "orders")
    if lineitem is None:
        per = rng.integers(1, 8, n_orders)
        li_o = np.repeat(np.arange(n_orders), per)
        n_li = len(li_o)
        ship = odays[li_o] + rng.integers(1, 60, n_li)
        lineitem = pa.table({
            "l_orderkey": okeys[li_o],
            "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
            "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, p + 1) for p in per]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 95000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(ship)})
    _write(lineitem, out_dir, "lineitem")
    n_ev = 200
    _write(pa.table({
        "event_id": np.arange(1, n_ev + 1, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + rng.integers(0, 86400 * 10**6, n_ev).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(1, 30, n_ev).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase"], n_ev),
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": ["{}"] * n_ev}), out_dir, "events")
    if documents is None:
        documents, _ = corpus(seed, 40)
    _write(documents, out_dir, "documents")
    n_emb = 40
    _write(pa.table({
        "vec_id": np.arange(1, n_emb + 1, dtype=np.int64),
        "embedding": pa.array(list(rng.normal(size=(n_emb, 8)).astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n_emb), pa.int32())}), out_dir, "embeddings")


# ---------------------------------------------------------------------------
# documents with planted duplicates and gate failures
# ---------------------------------------------------------------------------

_EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "you", "that"]
_LETTERS = np.array(list("bcdfghjklmnpqrstvwxz"))
_VOWELS = np.array(list("aeiouy"))


def _vocab(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """Content words of lo..hi letters (alternating consonant/vowel, so
    they never collide with a stopword of any listed language)."""
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(rng.choice(_LETTERS) if i % 2 == 0 else rng.choice(_VOWELS) for i in range(k))
        if len(w) >= 4:
            out.add(w)
    return sorted(out)


def corpus(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """Documents: clean English prose, plus planted exact duplicates
    (case/whitespace variants), near duplicates (one word changed), and
    documents built to fail exactly one quality gate.  Returns the table
    and the planted verdicts."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 3000, 4, 8)
    long_vocab = _vocab(rng, 500, 13, 15)

    def prose(n: int) -> list[str]:
        words = list(rng.choice(vocab, n))
        for i in np.flatnonzero(rng.random(n) < 0.18):
            words[i] = str(rng.choice(_EN_STOP))
        return words

    texts: list[str] = []
    langs: list[str] = []
    planted: dict[str, list[int]] = {k: [] for k in (
        "exact_dup", "near_dup", "filter_lang", "filter_short", "g_word_count",
        "g_mean_word_len", "g_stopwords", "g_dup_2gram", "g_dup_3gram", "g_dup_4gram")}
    n_plain = max(10, int(n_docs * 0.7))
    for _ in range(n_plain):
        texts.append(" ".join(prose(int(rng.integers(70, 200)))))
        langs.append("en")

    def add(kind: str, words: list[str], lang: str = "en") -> None:
        planted[kind].append(len(texts))
        texts.append(" ".join(words))
        langs.append(lang)

    n_each = max(1, n_docs // 40)
    originals = rng.choice(n_plain, 2 * n_each, replace=False)
    for k in originals[:n_each]:
        variant = texts[k].upper() if rng.random() < 0.5 else texts[k].replace(" ", "   ")
        planted["exact_dup"].append(len(texts))
        texts.append(variant)
        langs.append("en")
    for k in originals[n_each:]:
        words = texts[k].split(" ")
        words[-1] = str(rng.choice(vocab))
        add("near_dup", words)
    for _ in range(n_each):
        add("filter_lang", prose(int(rng.integers(70, 150))), "de")
        add("filter_short", prose(int(rng.integers(3, 7))))
        add("g_word_count", prose(int(rng.integers(20, 36))) + ["the", "of"])
        add("g_mean_word_len", list(rng.choice(long_vocab, 60)) + ["the", "of"])
        add("g_stopwords", list(rng.choice(vocab, int(rng.integers(60, 120)))))
        # 4-token period "the of" + 2 fresh words: top 2-gram share ~25%
        add("g_dup_2gram", [w for i in range(16) for w in ("the", "of", *rng.choice(vocab, 2))])
        # 5-token period + 1 trailing word: 3-gram share just above 18%,
        # 2-gram share exactly 20% (passes), 4-grams all distinct
        add("g_dup_3gram", [w for i in range(12) for w in ("the", "of", "and", *rng.choice(vocab, 2))]
            + [str(rng.choice(vocab))])
        # 6-token period: 4-gram share above 16%, 3-gram and 2-gram shares pass
        add("g_dup_4gram", [w for i in range(10) for w in ("the", "of", "and", "to", *rng.choice(vocab, 2))])
    while len(texts) < n_docs:
        texts.append(" ".join(prose(int(rng.integers(70, 200)))))
        langs.append("en")

    ids = np.arange(1, len(texts) + 1, dtype=np.int64) * 10 + 7
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": rng.choice(["web", "books", "forum"], len(texts)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    truth = {k: [int(ids[i]) for i in v] for k, v in planted.items()}
    truth["dup_originals"] = [int(ids[i]) for i in originals]
    return table, truth


def copurchase(seed: int, n_orders: int, n_parts: int, core: int) -> tuple[pa.Table, dict]:
    """Lineitem rows whose (order, part) pairs form a co-purchase graph:
    random 1-4 part baskets plus a planted dense core -- ``core`` parts
    bought together, a clique whose members have coreness >= core - 1."""
    rng = np.random.default_rng([seed, 4])
    per = rng.integers(1, 5, n_orders)
    li_o = np.repeat(np.arange(n_orders), per)
    parts = rng.integers(1, n_parts + 1, len(li_o))
    core_parts = np.sort(rng.choice(np.arange(1, n_parts + 1), core, replace=False))
    # three extra orders each buy the whole core: a clique of ``core`` parts
    co_o = np.repeat(np.arange(n_orders, n_orders + 3), core)
    co_p = np.tile(core_parts, 3)
    o = np.concatenate([li_o, co_o]) * 5 + 1
    p = np.concatenate([parts, co_p]).astype(np.int64)
    n = len(o)
    table = pa.table({
        "l_orderkey": o.astype(np.int64),
        "l_partkey": p,
        "l_suppkey": rng.integers(1, 50, n).astype(np.int64),
        "l_linenumber": pa.array(np.ones(n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 95000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts(rng.integers(0, 2400, n))})
    return table, {"core_parts": [int(x) for x in core_parts]}


def curation(seed: int, n_docs: int, n_graph_orders: int, out_dir: str) -> dict:
    docs, dtruth = corpus(seed, n_docs)
    li, gtruth = copurchase(seed, n_graph_orders, max(40, n_graph_orders // 4), 12)
    star(seed, 200, out_dir, lineitem=li, documents=docs)
    truth = {**dtruth, **gtruth}
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


# ---------------------------------------------------------------------------
# order/shipping event feed for the streaming upsert
# ---------------------------------------------------------------------------

EVENT_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                          ("user_id", pa.int64()), ("event_type", pa.string()),
                          ("value", pa.float64()), ("props", pa.string())])


def event_feed(csv_path: str, n_batches: int) -> list[pd.DataFrame]:
    """The real-time order and shipping feeds of the rawdata at ``csv_path``,
    keyed per order (the program's stream schema carries the key in
    ``user_id``).  Every line item emits ``order_placed`` at its order date
    and ``order_shipped`` at its shipping date; a null or unparseable date
    emits nothing.  The events land in the CSV's row order, cut into
    ``n_batches`` equal batches.  An order's line items are spread over the
    file, so after the first batch each batch mixes new orders, newer
    events of landed orders (late corrections) and events older than the
    landed row (out-of-order replays), in the shares that the rawdata's
    order sizes and dates give."""
    raw = pd.read_csv(csv_path, usecols=["order_id", "order_item_id", "sales",
                                         "order_date_dateorders", "shipping_date_dateorders"])
    parts = []
    for k, (col, kind) in enumerate([("order_date_dateorders", "order_placed"),
                                     ("shipping_date_dateorders", "order_shipped")]):
        parts.append(pd.DataFrame({
            "event_id": raw["order_item_id"].to_numpy(np.int64) * 2 + k,
            "ts": pd.to_datetime(raw[col], format="%m/%d/%Y %H:%M", errors="coerce").astype("datetime64[us]"),
            "user_id": raw["order_id"].to_numpy(np.int64),
            "event_type": kind,
            "value": raw["sales"].to_numpy(np.float64),
            "props": "{}",
            "row": np.arange(len(raw)) * 2 + k}))
    events = pd.concat(parts).sort_values("row").dropna(subset=["ts"]).drop(columns="row")
    bounds = np.linspace(0, len(events), n_batches + 1).astype(int)
    return [events.iloc[a:b].reset_index(drop=True) for a, b in zip(bounds[:-1], bounds[1:])]


def write_events(batch: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(batch, EVENT_SCHEMA, preserve_index=False), path)
