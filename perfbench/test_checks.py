"""The benchmark's checks accept a right output and reject a corrupted one.

Right outputs are built here without Spark (DuckDB, pandas, networkx), then
corrupted by one dropped row or one changed key.  Run with

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os

import duckdb
import networkx as nx
import pandas as pd
import pytest

import checks
import gen

N = "upper(trim({}))"
P = "CAST(try_strptime({}, '%m/%d/%Y %H:%M') AS DATE)"


def reference_warehouse(src: str, out: str) -> None:
    """The snowflake the program must write, built in DuckDB."""
    con = duckdb.connect()
    checks._raw_view(con, os.path.join(src, "rawdata.csv"))
    with open(os.path.join(src, "routes.geojson")) as fh:
        feats = json.load(fh)["features"]
    routes = pd.DataFrame(
        [(c[0][1], c[0][0], c[-1][1], c[-1][0]) for c in (f["geometry"]["coordinates"] for f in feats)],
        columns=["origin_lat", "origin_long", "dest_lat", "dest_long"]).drop_duplicates()
    con.register("routes", routes)
    geo = ", ".join(f"{N.format('order_' + c)} AS g_{c}" for c in ("city", "state", "country"))
    st = ", ".join(f"{N.format(c)} AS {c}" for c in ("shipping_mode", "delivery_status", "order_status"))
    tables = {
        "dim_department": "SELECT row_number() OVER (ORDER BY dept_id) AS dept_key, * FROM "
                          "(SELECT DISTINCT department_id AS dept_id FROM raw)",
        "dim_category": "SELECT row_number() OVER (ORDER BY cat_id) AS cat_key, * FROM "
                        "(SELECT DISTINCT category_id AS cat_id FROM raw)",
        "dim_product": "SELECT row_number() OVER (ORDER BY product_card_id) AS product_key, * FROM "
                       "(SELECT DISTINCT product_card_id FROM raw)",
        "dim_customer": "SELECT row_number() OVER (ORDER BY customer_id) AS customer_key, * FROM "
                        "(SELECT DISTINCT customer_id FROM raw)",
        "dim_geography": "SELECT row_number() OVER (ORDER BY g_city, g_state, g_country) AS geo_key, * "
                         f"FROM (SELECT DISTINCT {geo} FROM raw)",
        "dim_execution_status": "SELECT row_number() OVER (ORDER BY shipping_mode, delivery_status, "
                                f"order_status) AS status_key, * FROM (SELECT DISTINCT {st} FROM raw)",
        "dim_date": "SELECT d AS date_actual, CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key FROM ("
                    f"SELECT {P.format('order_date_dateorders')} AS d FROM raw UNION "
                    f"SELECT {P.format('shipping_date_dateorders')} FROM raw) WHERE d IS NOT NULL",
        "dim_route_shapes": "SELECT row_number() OVER (ORDER BY origin_lat, origin_long, dest_lat, "
                            "dest_long) AS route_shape_key, * FROM routes",
    }
    for name, sql in tables.items():
        con.execute(f"CREATE TABLE {name} AS {sql}")
    con.execute(f"""CREATE TABLE fact_supplychain_events AS SELECT r.order_item_id, r.sales,
        r.order_profit_per_order AS profit, r.order_item_quantity AS quantity,
        p.product_key, c.customer_key, s.status_key, g.geo_key AS order_geo_key,
        cg.geo_key AS customer_geo_key, rs.route_shape_key,
        CAST(strftime({P.format('r.order_date_dateorders')}, '%Y%m%d') AS INTEGER) AS order_date_key,
        CAST(strftime({P.format('r.shipping_date_dateorders')}, '%Y%m%d') AS INTEGER) AS shipping_date_key
        FROM raw r
        LEFT JOIN dim_product p USING (product_card_id)
        LEFT JOIN dim_customer c ON c.customer_id = r.order_customer_id
        LEFT JOIN dim_execution_status s ON s.shipping_mode = {N.format('r.shipping_mode')}
            AND s.delivery_status = {N.format('r.delivery_status')} AND s.order_status = {N.format('r.order_status')}
        LEFT JOIN dim_geography g ON g.g_city = {N.format('r.order_city')}
            AND g.g_state = {N.format('r.order_state')} AND g.g_country = {N.format('r.order_country')}
        LEFT JOIN dim_geography cg ON cg.g_city = {N.format('r.customer_city')}
            AND cg.g_state = {N.format('r.customer_state')} AND cg.g_country = {N.format('r.customer_country')}
        LEFT JOIN dim_route_shapes rs ON rs.origin_lat = r.latitude_src AND rs.origin_long = r.longitude_src
            AND rs.dest_lat = r.latitude_dest AND rs.dest_long = r.longitude_dest""")
    for name in list(tables) + ["fact_supplychain_events"]:
        os.makedirs(os.path.join(out, name))
        con.execute(f"COPY {name} TO '{os.path.join(out, name, 'part-0.parquet')}' (FORMAT parquet)")
    con.close()


def rewrite(path: str, fn) -> None:
    """Apply ``fn`` to the parquet table at ``path`` in place."""
    df = pd.read_parquet(path)
    fn(df).to_parquet(path, index=False)


@pytest.fixture(scope="module")
def rawdata(tmp_path_factory):
    src = str(tmp_path_factory.mktemp("raw"))
    return src, gen.rawdata(5, 60, src)


def test_warehouse_check(rawdata, tmp_path):
    src, truth = rawdata
    csv = os.path.join(src, "rawdata.csv")
    wh = str(tmp_path / "wh")
    reference_warehouse(src, wh)
    assert checks.warehouse(csv, wh, truth) == []

    fact = os.path.join(wh, "fact_supplychain_events", "part-0.parquet")
    rewrite(fact, lambda df: df.iloc[1:])  # one dropped row
    assert any("fact:" in f for f in checks.warehouse(csv, wh, truth))

    wh2 = str(tmp_path / "wh2")
    reference_warehouse(src, wh2)
    dim = os.path.join(wh2, "dim_customer", "part-0.parquet")
    rewrite(dim, lambda df: df.assign(customer_key=df["customer_key"].where(df.index != 0, 10**6)))
    assert any("dim_customer" in f for f in checks.warehouse(csv, wh2, truth))

    wh3 = str(tmp_path / "wh3")
    reference_warehouse(src, wh3)
    fact3 = os.path.join(wh3, "fact_supplychain_events", "part-0.parquet")
    rewrite(fact3, lambda df: df.assign(product_key=df["product_key"].where(df.index != 0, df["product_key"] % 3 + 1)))
    assert any("product_key" in f for f in checks.warehouse(csv, wh3, truth))


def test_upsert_check(rawdata):
    feed = gen.event_feed(os.path.join(rawdata[0], "rawdata.csv"), 3)
    events = pd.concat(feed)
    final = events.sort_values(["user_id", "ts", "event_id"]).groupby("user_id").tail(1)
    seen, counts = set(), []
    for b in feed:
        seen |= set(b["user_id"])
        counts.append(len(seen))
    assert checks.upsert(feed, counts, final) == []
    assert checks.upsert(feed, counts, final.iloc[1:])  # one dropped row
    stale = final.copy()
    stale.iloc[0, stale.columns.get_loc("event_id")] = -1  # not the winner any more
    assert checks.upsert(feed, counts, stale)
    assert checks.upsert(feed, [counts[0] - 1] + counts[1:], final)


@pytest.fixture(scope="module")
def star_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("star"))
    gen.star(4, 300, d)
    return d


@pytest.mark.parametrize("query", sorted(checks.DASHBOARD_SQL))
def test_dashboard_check(star_dir, query):
    con = checks.star_connection(star_dir)
    right = con.execute(checks.DASHBOARD_SQL[query]).fetchall()
    con.close()
    assert checks.dashboard(query, star_dir, right) == []
    assert checks.dashboard(query, star_dir, right[1:])  # one dropped row
    changed = [tuple(["?"] + list(right[0][1:]))] + right[1:]  # one changed key
    assert checks.dashboard(query, star_dir, changed)


def test_curation_check(tmp_path):
    d = str(tmp_path / "cur")
    truth = gen.curation(6, 120, 300, d)
    docs = pd.read_parquet(os.path.join(d, "documents.parquet"))
    failing = set(truth["filter_lang"]) | set(truth["filter_short"])
    quality = docs[~docs["doc_id"].isin(failing)][["doc_id"]]
    gopher = pd.DataFrame({"doc_id": docs["doc_id"]})
    for gate in checks.GATES:
        gopher[gate] = ~gopher["doc_id"].isin(truth[gate])
    planted = {i for gate in checks.GATES for i in truth[gate]}
    gopher["passes"] = ~gopher["doc_id"].isin(planted)
    li = pd.read_parquet(os.path.join(d, "lineitem.parquet"))
    graph = nx.Graph()
    for _, grp in li.drop_duplicates(["l_orderkey", "l_partkey"]).groupby("l_orderkey")["l_partkey"]:
        p = sorted(grp)
        graph.add_edges_from((a, b) for i, a in enumerate(p) for b in p[i + 1:])
    core = nx.core_number(graph)
    kcore = pd.DataFrame({"part": list(core), "degree": [graph.degree[p] for p in core],
                          "coreness": list(core.values()), "converged": True})
    right = {"corpus_quality_filter": quality, "corpus_gopher_rules": gopher, "graph_kcore": kcore}
    assert checks.curation(d, truth, right) == []

    plain = sorted(set(docs["doc_id"]) - planted - failing - set(truth["exact_dup"]) - set(truth["near_dup"]))
    corrupt = [
        ("corpus_quality_filter", quality[quality["doc_id"] != plain[0]]),  # dropped row
        ("corpus_quality_filter", pd.concat([quality, pd.DataFrame({"doc_id": truth["filter_lang"][:1]})])),
        ("corpus_gopher_rules", gopher.assign(doc_id=gopher["doc_id"].replace(truth["g_stopwords"][0], -1))),
        ("graph_kcore", kcore.iloc[1:]),  # dropped row
        ("graph_kcore", kcore.assign(part=kcore["part"].where(kcore.index != 0, -5))),  # changed key
        ("graph_kcore", kcore.assign(coreness=kcore["coreness"] - (kcore.index == 0))),  # below the truth
    ]
    for op, bad in corrupt:
        assert checks.curation(d, truth, {**right, op: bad}), op
