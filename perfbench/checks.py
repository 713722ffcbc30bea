"""Output checks, computed apart from the program.

Each function takes the program's outputs (files it wrote or rows it
returned) plus the generator's inputs and ground truth, recomputes what the
output must be with DuckDB, pandas or networkx, and returns a list of
human-readable failures (empty when the output is right).
"""

from __future__ import annotations

import glob
import math
import os

import duckdb
import pandas as pd

# ---------------------------------------------------------------------------
# warehouse_load: the 8-dim + fact snowflake
# ---------------------------------------------------------------------------

_NORM = "upper(trim({}))"
_PARSE = "try_strptime({}, '%m/%d/%Y %H:%M')"

# dim -> (key column, natural-key columns in key order, expected-count SQL)
_DIMS = {
    "dim_department": ("dept_key", ["dept_id"], "SELECT count(DISTINCT department_id) FROM raw"),
    "dim_category": ("cat_key", ["cat_id"], "SELECT count(DISTINCT category_id) FROM raw"),
    "dim_product": ("product_key", ["product_card_id"], "SELECT count(DISTINCT product_card_id) FROM raw"),
    "dim_customer": ("customer_key", ["customer_id"], "SELECT count(DISTINCT customer_id) FROM raw"),
    "dim_geography": ("geo_key", ["g_city", "g_state", "g_country"],
                      "SELECT count(*) FROM (SELECT DISTINCT {}, {}, {} FROM raw)".format(
                          *[_NORM.format(c) for c in ("order_city", "order_state", "order_country")])),
    "dim_execution_status": ("status_key", ["shipping_mode", "delivery_status", "order_status"],
                             "SELECT count(*) FROM (SELECT DISTINCT {}, {}, {} FROM raw)".format(
                                 *[_NORM.format(c) for c in ("shipping_mode", "delivery_status", "order_status")])),
    "dim_route_shapes": ("route_shape_key", ["origin_lat", "origin_long", "dest_lat", "dest_long"], None),
}

# fact FK -> (dim, dim columns, raw expressions they must equal)
_FKS = {
    "product_key": ("dim_product", ["product_card_id"], ["r.product_card_id"]),
    "customer_key": ("dim_customer", ["customer_id"], ["r.order_customer_id"]),
    "status_key": ("dim_execution_status", ["shipping_mode", "delivery_status", "order_status"],
                   [_NORM.format("r." + c) for c in ("shipping_mode", "delivery_status", "order_status")]),
    "order_geo_key": ("dim_geography", ["g_city", "g_state", "g_country"],
                      [_NORM.format("r." + c) for c in ("order_city", "order_state", "order_country")]),
    "customer_geo_key": ("dim_geography", ["g_city", "g_state", "g_country"],
                         [_NORM.format("r." + c) for c in ("customer_city", "customer_state", "customer_country")]),
    "route_shape_key": ("dim_route_shapes", ["origin_lat", "origin_long", "dest_lat", "dest_long"],
                        ["r.latitude_src", "r.longitude_src", "r.latitude_dest", "r.longitude_dest"]),
}


def _raw_view(con, csv_path: str) -> None:
    con.execute(f"""CREATE OR REPLACE TABLE raw AS SELECT * REPLACE (
        CAST(order_item_id AS INTEGER) AS order_item_id,
        CAST(customer_id AS INTEGER) AS customer_id,
        CAST(order_customer_id AS INTEGER) AS order_customer_id,
        CAST(department_id AS INTEGER) AS department_id,
        CAST(category_id AS INTEGER) AS category_id,
        CAST(product_card_id AS INTEGER) AS product_card_id,
        CAST(latitude_src AS DOUBLE) AS latitude_src, CAST(longitude_src AS DOUBLE) AS longitude_src,
        CAST(latitude_dest AS DOUBLE) AS latitude_dest, CAST(longitude_dest AS DOUBLE) AS longitude_dest,
        CAST(sales AS DECIMAL(18,2)) AS sales,
        CAST(order_profit_per_order AS DECIMAL(18,2)) AS order_profit_per_order,
        CAST(order_item_quantity AS BIGINT) AS order_item_quantity)
        FROM read_csv('{csv_path}', header=true, all_varchar=true)""")


def _table_view(con, wh: str, name: str) -> None:
    files = glob.glob(os.path.join(wh, name, "**", "*.parquet"), recursive=True)
    if not files:
        raise FileNotFoundError(f"{name}: no parquet files under {wh}")
    con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM read_parquet({files!r})")


def _one(con, sql: str):
    return con.execute(sql).fetchone()[0]


def warehouse(csv_path: str, wh: str, truth: dict) -> list[str]:
    """Check the nine written tables against the rawdata CSV."""
    con = duckdb.connect()
    fails: list[str] = []
    try:
        _raw_view(con, csv_path)
        for t in list(_DIMS) + ["dim_date", "fact_supplychain_events"]:
            _table_view(con, wh, t)
    except (FileNotFoundError, duckdb.Error) as exc:
        return [f"warehouse unreadable: {exc}"]

    # dims: row count = distinct natural keys; keys exactly 1..N in key order
    for dim, (key, nat, count_sql) in _DIMS.items():
        n = _one(con, f"SELECT count(*) FROM {dim}")
        want = truth["routes"] if count_sql is None else _one(con, count_sql)
        if n != want:
            fails.append(f"{dim}: {n} rows, {want} distinct natural keys")
        order = ", ".join(nat)
        bad = _one(con, f"""SELECT count(*) FROM (SELECT {key},
                   row_number() OVER (ORDER BY {order}) AS rn FROM {dim}) WHERE {key} IS DISTINCT FROM rn""")
        if bad:
            fails.append(f"{dim}: {bad} keys differ from 1..N in ({order}) order")
    dates = (f"SELECT DISTINCT CAST({_PARSE.format('order_date_dateorders')} AS DATE) AS d FROM raw "
             f"UNION SELECT DISTINCT CAST({_PARSE.format('shipping_date_dateorders')} AS DATE) FROM raw")
    n_dates = _one(con, f"SELECT count(*) FROM ({dates}) WHERE d IS NOT NULL")
    if _one(con, "SELECT count(*) FROM dim_date") != n_dates:
        fails.append(f"dim_date: expected {n_dates} parseable dates")
    if _one(con, "SELECT count(*) FROM dim_date WHERE date_key <> CAST(strftime(date_actual, '%Y%m%d') AS INTEGER)"):
        fails.append("dim_date: date_key is not yyyymmdd of date_actual")

    # fact: every rawdata row once, measures sum to the CSV's
    f = "fact_supplychain_events"
    n_raw, n_fact = _one(con, "SELECT count(*) FROM raw"), _one(con, f"SELECT count(*) FROM {f}")
    kept = _one(con, f"SELECT count(DISTINCT f.order_item_id) FROM {f} f JOIN raw r USING (order_item_id)")
    if not (n_raw == n_fact == kept):
        fails.append(f"fact: {n_fact} rows ({kept} matching rawdata items) for {n_raw} rawdata rows")
    for fcol, rcol in (("sales", "sales"), ("profit", "order_profit_per_order"),
                       ("quantity", "order_item_quantity")):
        got = _one(con, f"SELECT sum({fcol}) FROM {f}")
        want = _one(con, f"SELECT sum({rcol}) FROM raw")
        if got != want:
            fails.append(f"fact: sum({fcol}) = {got}, rawdata sum = {want}")

    # every FK joins back to its source attributes through order_item_id
    for fk, (dim, dcols, rexprs) in _FKS.items():
        match = " AND ".join(f"{{a}}.{c} = {e}" for c, e in zip(dcols, rexprs))
        exists = f"EXISTS (SELECT 1 FROM {dim} d WHERE {match.format(a='d')})"
        match = match.format(a="dk")
        bad = _one(con, f"""SELECT count(*) FROM {f} x JOIN raw r USING (order_item_id)
            LEFT JOIN {dim} dk ON dk.{_DIMS[dim][0]} = x.{fk}
            WHERE CASE WHEN x.{fk} IS NULL THEN {exists}
                       ELSE NOT coalesce({match}, false) END""")
        if bad:
            fails.append(f"fact.{fk}: {bad} rows do not join back to their rawdata attributes")
    for fk, col in (("order_date_key", "order_date_dateorders"),
                    ("shipping_date_key", "shipping_date_dateorders")):
        bad = _one(con, f"""SELECT count(*) FROM {f} x JOIN raw r USING (order_item_id) WHERE
            x.{fk} IS DISTINCT FROM CAST(strftime(CAST({_PARSE.format('r.' + col)} AS DATE), '%Y%m%d') AS INTEGER)""")
        if bad:
            fails.append(f"fact.{fk}: {bad} rows differ from the parsed rawdata date")

    # planted nulls
    for col, key in (("route_shape_key", "route_key_nulls"), ("order_date_key", "order_date_key_nulls"),
                     ("shipping_date_key", "shipping_date_key_nulls")):
        n = _one(con, f"SELECT count(*) FROM {f} WHERE {col} IS NULL")
        if n != truth[key]:
            fails.append(f"fact.{col}: {n} nulls, {truth[key]} planted")
    con.close()
    return fails


# ---------------------------------------------------------------------------
# streaming upsert
# ---------------------------------------------------------------------------

UPSERT_COLS = ["user_id", "event_id", "ts", "event_type", "value"]


def upsert(feed: list[pd.DataFrame], snapshot_rows: list[int], final: pd.DataFrame) -> list[str]:
    """The final snapshot is the per-key argmax by (ts, event_id) over every
    landed event; each intermediate snapshot holds one row per key seen."""
    fails = []
    seen: set[int] = set()
    for i, (batch, n) in enumerate(zip(feed, snapshot_rows)):
        seen |= set(batch["user_id"].tolist())
        if n != len(seen):
            fails.append(f"upsert: snapshot after batch {i} has {n} rows, {len(seen)} keys landed")
    events = pd.concat(feed, ignore_index=True)
    want = (events.sort_values(["user_id", "ts", "event_id"])
            .groupby("user_id", as_index=False).tail(1)[UPSERT_COLS])
    got = final[UPSERT_COLS].copy()
    got["ts"] = pd.to_datetime(got["ts"]).astype("datetime64[us]")
    want = want.assign(ts=want["ts"].astype("datetime64[us]"))
    key = lambda df: set(map(tuple, df.astype(str).values.tolist()))  # noqa: E731
    missing, extra = key(want) - key(got), key(got) - key(want)
    if missing or extra or len(got) != len(want):
        fails.append(f"upsert: final snapshot has {len(got)} rows, {len(missing)} winners missing, "
                     f"{len(extra)} rows that are not winners")
    return fails


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

_REV = "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))"
_HIER = f"""SELECT p_brand, p_type, CAST(SUM({_REV}) AS DOUBLE) AS total_revenue, COUNT(*) AS n_items
            FROM lineitem LEFT JOIN part ON l_partkey = p_partkey GROUP BY {{}}"""
_TREND = """SELECT CAST(year(o_orderdate) AS INTEGER) AS y, CAST(month(o_orderdate) AS INTEGER) AS m,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS s, COUNT(*) AS n
            FROM orders GROUP BY 1, 2"""
DASHBOARD_SQL = {
    "a5_profit_by_hierarchy": _HIER.format("p_brand, p_type"),
    "sql_profit_by_hierarchy": _HIER.format("p_brand, p_type"),
    "a5_profit_rollup": _HIER.format("ROLLUP (p_brand, p_type)"),
    "a6_sales_trend": _TREND,
    "a6_sales_trend_mom": f"""SELECT y, m, s, s - lag(s) OVER (ORDER BY y, m) FROM ({_TREND})
                              WHERE y IS NOT NULL""",
    "a7_schedule_adherence": """SELECT l_linestatus, SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
                                THEN 1 ELSE 0 END) AS n_on, COUNT(*) AS n,
                                round(n_on / n, 6) FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
                                GROUP BY l_linestatus""",
    "a8_returns_by_nation": f"""SELECT n_name, COUNT(*), CAST(SUM({_REV}) AS DOUBLE) FROM lineitem
                                JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
                                JOIN nation ON c_nationkey = n_nationkey WHERE l_returnflag = 'R'
                                GROUP BY n_name""",
    "q1_pricing_summary": """SELECT l_returnflag, l_linestatus,
                             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE),
                             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE),
                             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE),
                             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE),
                             COUNT(*) FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
                             GROUP BY l_returnflag, l_linestatus""",
    "top_customers": f"""SELECT c_custkey, c_name, CAST(SUM({_REV}) AS DOUBLE) AS rev, COUNT(*)
                         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                         JOIN customer ON o_custkey = c_custkey
                         GROUP BY c_custkey, c_name ORDER BY rev DESC, c_custkey LIMIT 10""",
}


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _sort_key(row) -> tuple:
    return tuple((v is None, "" if v is None or isinstance(v, float) else str(v)) for v in row)


def star_connection(star_dir: str):
    con = duckdb.connect()
    for f in glob.glob(os.path.join(star_dir, "*.parquet")):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def compare_rows(label: str, got: list[tuple], want: list[tuple]) -> list[str]:
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    bad = sum(1 for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key))
              if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)))
    return [f"{label}: {bad} rows differ from the DuckDB result"] if bad else []


def dashboard(query: str, star_dir: str, rows: list) -> list[str]:
    con = star_connection(star_dir)
    want = con.execute(DASHBOARD_SQL[query]).fetchall()
    got = [tuple(r) for r in rows]
    fails = compare_rows(f"{query} on {os.path.basename(star_dir)}", got, want)
    if query == "a5_profit_rollup":
        total = _one(con, f"SELECT CAST(SUM({_REV}) AS DOUBLE) FROM lineitem")
        grand = [r[2] for r in got if r[0] is None and r[1] is None]
        if len(grand) != 1 or not _close(grand[0], total):
            fails.append(f"a5_profit_rollup: grand total {grand} != lineitem revenue {total}")
    con.close()
    return fails


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

GATES = ["g_word_count", "g_mean_word_len", "g_stopwords", "g_dup_2gram", "g_dup_3gram", "g_dup_4gram"]


def curation(cur_dir: str, truth: dict, out: dict[str, pd.DataFrame]) -> list[str]:
    """Check each operator's output in ``out`` (an operator that failed has
    none) against the planted verdicts and networkx."""
    import networkx as nx

    fails = []
    docs = pd.read_parquet(os.path.join(cur_dir, "documents.parquet"), columns=["doc_id"])
    planted = {i for k, v in truth.items() if k not in ("core_parts", "dup_originals") for i in v}
    plain = set(docs["doc_id"]) - planted

    # quality filter: planted failures dropped, plain English prose kept
    if "corpus_quality_filter" in out:
        kept = set(out["corpus_quality_filter"]["doc_id"])
        for kind in ("filter_lang", "filter_short"):
            if kept & set(truth[kind]):
                fails.append(f"corpus_quality_filter kept {len(kept & set(truth[kind]))} planted {kind} docs")
        if plain - kept:
            fails.append(f"corpus_quality_filter dropped {len(plain - kept)} clean docs")

    # Gopher rules: each planted doc fails exactly its gate
    if "corpus_gopher_rules" in out:
        g = out["corpus_gopher_rules"].set_index("doc_id")
        for gate in GATES:
            for d in truth[gate]:
                row = g.loc[d] if d in g.index else None
                want = {x: x != gate for x in GATES}
                if row is None or any(bool(row[x]) != want[x] for x in GATES) or bool(row["passes"]):
                    fails.append(f"corpus_gopher_rules: doc {d} planted to fail only {gate}")
        if not g.loc[sorted(plain)]["passes"].all():
            fails.append("corpus_gopher_rules: clean docs failed a gate")

    # k-core: never below the true coreness, never above degree, exact when converged
    li = pd.read_parquet(os.path.join(cur_dir, "lineitem.parquet"), columns=["l_orderkey", "l_partkey"])
    graph = nx.Graph()
    for _, grp in li.drop_duplicates().groupby("l_orderkey")["l_partkey"]:
        parts = sorted(grp.tolist())[:256]
        graph.add_edges_from((a, b) for i, a in enumerate(parts) for b in parts[i + 1:])
    core = nx.core_number(graph)
    k = out.get("graph_kcore")
    if k is not None and set(k["part"]) != set(core):
        fails.append(f"graph_kcore: {len(k)} nodes, graph has {len(core)}")
    elif k is not None:
        for part, deg, c, conv in k[["part", "degree", "coreness", "converged"]].itertuples(index=False):
            if not (core[part] <= c <= deg) or deg != graph.degree[part] or (conv and c != core[part]):
                fails.append(f"graph_kcore: part {part} coreness {c}, degree {deg}, true {core[part]}")
                break
    want_core = len(truth["core_parts"]) - 1
    if any(core.get(p, 0) < want_core for p in truth["core_parts"]):
        fails.append("graph_kcore: planted dense core missing from the input graph")
    return fails
